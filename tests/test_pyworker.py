"""The Python-worker zip fix (micce_search_engine_spark/_pyworker.py):
unchanged archives are not re-read per task, changed ones still are,
and the fix is inert outside a Spark task and on Python >= 3.13."""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pytest
from pyspark.taskcontext import TaskContext

from micce_search_engine_spark import _pyworker
from micce_search_engine_spark._pyworker import active
from micce_search_engine_spark.session import _package_zip


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def archive(tmp_path):
    """A zip of module m1 on sys.path; restores sys.path, sys.modules
    and zipimporter.invalidate_caches afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["m1"])
    stdlib = zipimport.zipimporter.invalidate_caches
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        zipimport.zipimporter.invalidate_caches = stdlib
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        _pyworker._stamps.pop(path, None)
        for name in ("m1", "m2"):
            sys.modules.pop(name, None)


@pytest.fixture
def read_spy(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    return reads


def test_unchanged_archive_is_not_reread(archive, monkeypatch, read_spy):
    assert importlib.import_module("m1").NAME == "m1"
    monkeypatch.setattr(TaskContext, "get", lambda: object())
    assert _pyworker.install() and active()
    patched = zipimport.zipimporter.invalidate_caches
    assert _pyworker.install() and zipimport.zipimporter.invalidate_caches is patched

    read_spy.clear()  # installing reads each archive once, to stamp it
    importlib.invalidate_caches()
    assert read_spy == []

    _write_zip(archive, ["m1", "m2"])  # new member: the size changes
    importlib.invalidate_caches()
    assert read_spy == [archive]
    assert importlib.import_module("m2").NAME == "m2"

    with open(archive, "wb") as f:  # unreadable: the entry is cleared
        f.write(b"not a zip")
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _pyworker._stamps


def test_install_is_inert_on_the_driver_and_on_313(archive, monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    assert TaskContext.get() is None
    assert not _pyworker.install()
    monkeypatch.setattr(TaskContext, "get", lambda: object())
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    assert not _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib and not active()


def test_workers_skip_unchanged_archives(spark):
    """Every task of a second run finds the fix installed in its worker,
    and an importlib.invalidate_caches() there re-reads no archive."""

    def probe(batches):
        import pyarrow as pa

        reads = []
        real = zipimport._read_directory

        def spy(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = spy
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        ok = active() and not reads  # a package function: imports the package
        for b in batches:
            yield pa.RecordBatch.from_pydict({"ok": [ok] * b.num_rows})

    df = spark.range(8, numPartitions=4).mapInArrow(probe, "ok boolean")
    df.collect()
    rows = df.collect()
    assert len(rows) == 8 and all(r["ok"] for r in rows)


def test_package_zip_is_private_and_written_once():
    """Every get_spark in a process ships one private copy of the package,
    never the shared temp-dir name another process could rewrite."""
    path = _package_zip()
    assert _package_zip() == path
    assert path != os.path.join(tempfile.gettempdir(), "micce_search_engine_spark.zip")
    with zipfile.ZipFile(path) as z:
        assert "micce_search_engine_spark/_pyworker.py" in z.namelist()
