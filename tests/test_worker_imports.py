"""`lexor_spark.worker_imports`: `importlib.invalidate_caches()` re-reads a
zip archive on `sys.path` only when the archive changed on disk.

Reads are counted (calls to `zipimport._read_directory`), never timed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from lexor_spark import worker_imports

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip archives lazily; install() is a no-op")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    # write aside and rename, so the rewritten archive is a new inode
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"lexor_zipmod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("lexor_zipmod_a", "lexor_zipmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to `zipimport._read_directory`, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_installed_on_package_import():
    assert zipimport.zipimporter.invalidate_caches is worker_imports._invalidate_caches


def test_unchanged_archive_is_not_reread(zip_on_path, reads):
    assert importlib.import_module("lexor_zipmod_a").VALUE == "a"
    importlib.invalidate_caches()  # the first call stamps the archive
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert zip_on_path not in reads
    assert isinstance(sys.path_importer_cache[zip_on_path], zipimport.zipimporter)


def test_rewritten_archive_is_reread(zip_on_path, reads):
    importlib.import_module("lexor_zipmod_a")
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"lexor_zipmod_a": "VALUE = 'a'\n",
                             "lexor_zipmod_b": "VALUE = 'b'\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1
    assert importlib.import_module("lexor_zipmod_b").VALUE == "b"


def test_spark_worker_skips_rereads(spark):
    """In a Python worker that has unpickled a lexor_spark UDF, the
    wrapper is installed and a repeat `importlib.invalidate_caches()`
    (what PySpark runs before every task) reads no archive."""
    import pyarrow as pa

    wi = worker_imports  # unpickling `probe` imports the package in the worker

    def probe(batches):
        import importlib
        import zipimport

        for _ in batches:
            pass
        importlib.invalidate_caches()
        seen = []
        real = zipimport._read_directory

        def counting(archive):
            seen.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = [f for f in sys.path_importer_cache.values()
                     if isinstance(f, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pydict({
            "installed": [zipimport.zipimporter.invalidate_caches
                          is wi._invalidate_caches],
            "zip_importers": [len(importers)],
            "reads": [len(seen)]})

    rows = (spark.range(4, numPartitions=4)
            .mapInArrow(probe, "installed boolean, zip_importers long, reads long")
            .collect())
    assert len(rows) == 4
    for row in rows:
        assert row.installed
        assert row.reads == 0
    # the workers do import from zip archives (pyspark.zip, py4j)
    assert max(row.zip_importers for row in rows) > 0
