"""zipimport_cache: ``importlib.invalidate_caches()`` must not re-read an
unchanged zip archive (CPython < 3.12), must still re-read a changed one,
and must be installed in executors, not only in the driver."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from osm_pbf_convert_spark import zipimport_cache
from osm_pbf_convert_spark.functions.cells import morton_cell_np

PATCHED = sys.version_info < (3, 12)


def _write_zip(path, pkg, extra=()):
    """A zip package ``pkg`` with subpackages a, b, c (one module each),
    plus ``extra`` top-level modules; written aside then renamed in."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        for sub in "abc":
            z.writestr(f"{pkg}/{sub}/__init__.py", "")
            z.writestr(f"{pkg}/{sub}/mod.py", f"NAME = {sub!r}\n")
        for name in extra:
            z.writestr(f"{pkg}/{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)


@pytest.fixture
def zip_pkg(tmp_path, request):
    """(archive path, package name) on sys.path; removed afterwards."""
    pkg = f"zc_{request.node.name}"
    archive = str(tmp_path / f"{pkg}.zip")
    _write_zip(archive, pkg)
    sys.path.insert(0, archive)
    yield archive, pkg
    sys.path.remove(archive)
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    for name in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
        del sys.modules[name]
    zipimport._zip_directory_cache.pop(archive, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen = []
    original = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_installed_only_before_312():
    assert getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False) is PATCHED


def test_install_twice_is_noop():
    before = zipimport.zipimporter.invalidate_caches
    zipimport_cache.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_unchanged_archive_not_reread(zip_pkg, reads):
    archive, pkg = zip_pkg
    for sub in "abc":
        assert importlib.import_module(f"{pkg}.{sub}.mod").NAME == sub
    importers = [
        imp for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == archive
    ]
    # one importer per package dir: the stock method reads once per importer
    assert len(importers) >= 4
    per_call = []
    for _ in range(2):
        del reads[:]
        importlib.invalidate_caches()
        per_call.append(reads.count(archive))
    if PATCHED:
        # the first call re-reads once for all importers (the directory
        # came from the importer's constructor, which records no stat)
        assert per_call == [1, 0]
    else:
        assert per_call[1] == 0


def test_changed_archive_is_reread(zip_pkg, reads):
    archive, pkg = zip_pkg
    importlib.import_module(f"{pkg}.a.mod")
    importlib.invalidate_caches()
    _write_zip(archive, pkg, extra=("added",))
    importlib.invalidate_caches()
    assert importlib.import_module(f"{pkg}.added").NAME == "added"
    assert reads.count(archive) >= 1


def test_unstatable_archive_falls_back(zip_pkg):
    archive, pkg = zip_pkg
    importlib.import_module(f"{pkg}.a.mod")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    with pytest.raises(ImportError):
        importlib.import_module(f"{pkg}.b.mod")


@pytest.mark.spark
def test_installed_in_executors(spark):
    """The probe refers to a package function, like every engine UDF, so
    unpickling it imports the package in the worker. Per task: the shim's
    presence, then ``_read_directory`` calls during two invalidations --
    the first may read each archive once (the worker read it before the
    package was imported), the second must read nothing."""

    def probe(batches):
        import pandas as pd

        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            counts = []
            for _ in range(2):
                del calls[:]
                importlib.invalidate_caches()
                counts.append(len(calls))
        finally:
            zipimport._read_directory = original
        patched = getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)
        for pdf in batches:
            morton_cell_np(pdf["id"].to_numpy(), pdf["id"].to_numpy())
        yield pd.DataFrame({
            "patched": [patched],
            "first": [counts[0]],
            "second": [counts[1]],
            "importers": [sum(
                isinstance(i, zipimport.zipimporter)
                for i in sys.path_importer_cache.values()
            )],
            "archives": [len(zipimport._zip_directory_cache)],
        })

    rows = (
        spark.range(0, 800, numPartitions=8)
        .mapInPandas(
            probe,
            "patched boolean, first long, second long, importers long, archives long",
        )
        .collect()
    )
    assert len(rows) == 8
    assert all(r["importers"] > r["archives"] > 0 for r in rows), rows
    assert all(r["second"] == 0 for r in rows), rows
    if PATCHED:
        assert all(r["patched"] for r in rows), rows
        assert all(r["first"] <= r["archives"] for r in rows), rows
    else:
        assert not any(r["patched"] for r in rows), rows
