"""Python worker hop: ``session._reuse_unchanged_zip_directories`` keeps
``importlib.invalidate_caches()`` from re-parsing an unchanged zip archive's
directory, in this process and in a PySpark worker task."""

from __future__ import annotations

import importlib
import sys
import time
import zipfile
import zipimport

import pytest

from vectordb_etl_spark.session import _reuse_unchanged_zip_directories

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport drops the cache lazily"
)


@pytest.fixture
def import_state():
    """Restore ``sys.path``, ``sys.modules`` and the importer caches."""
    path = list(sys.path)
    modules = set(sys.modules)
    importers = dict(sys.path_importer_cache)
    directories = dict(zipimport._zip_directory_cache)
    yield
    sys.path[:] = path
    for name in set(sys.modules) - modules:
        del sys.modules[name]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(importers)
    zipimport._zip_directory_cache.clear()
    zipimport._zip_directory_cache.update(directories)


def _write_archive(archive, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@before_313
def test_unchanged_archive_directory_is_not_reread(
    import_state, tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    _write_archive(archive, {"zipshim_one": "VALUE = 1\n"})
    sys.path.insert(0, str(archive))
    assert importlib.import_module("zipshim_one").VALUE == 1
    # the archive joined sys.path after the shim was installed, so it has
    # no stamp yet: this call reads it through the stdlib method
    importlib.invalidate_caches()

    reads = _count_directory_reads(monkeypatch)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    time.sleep(0.01)
    _write_archive(archive, {"zipshim_one": "VALUE = 1\n",
                             "zipshim_two": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads == [str(archive)]
    assert importlib.import_module("zipshim_two").VALUE == 2


@before_313
def test_vanished_archive_goes_through_the_stdlib_method(
    import_state, tmp_path
):
    archive = tmp_path / "gone.zip"
    _write_archive(archive, {"zipshim_gone": "VALUE = 3\n"})
    sys.path.insert(0, str(archive))
    importlib.import_module("zipshim_gone")
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(archive)]
    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


@before_313
def test_shim_installs_once():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed._reuses_unchanged_directories
    _reuse_unchanged_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert not hasattr(installed.__wrapped__, "_reuses_unchanged_directories")


@pytest.mark.skipif(sys.version_info < (3, 13), reason="the shim applies")
def test_shim_leaves_313_zipimport_untouched():
    method = zipimport.zipimporter.invalidate_caches
    assert not hasattr(method, "_reuses_unchanged_directories")
    assert not hasattr(method, "__wrapped__")


@before_313
def test_worker_task_reads_no_zip_directory(spark):
    """A worker task's ``invalidate_caches()`` reads no zip directory once
    the package is imported, as unpickling any of its UDFs does. Without
    the shim every zip importer in the worker re-reads its archive."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import vectordb_etl_spark  # noqa: F401

        for _ in batches:
            pass
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({"importers": [importers], "reads": [len(reads)]})

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers >= 1 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
