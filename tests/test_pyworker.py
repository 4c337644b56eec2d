"""``_pyworker.install()``: zip importers skip unchanged archives in Spark
Python workers, re-read changed ones, and the driver is left untouched."""

import importlib
import sys
import zipfile
import zipimport

import pytest
from pyspark import TaskContext

from postfix_log_parser_spark import _pyworker

needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 re-reads zip directories lazily; install() is a no-op there",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def worker_install(monkeypatch):
    """Run install() as in a worker (a task context is set); the original
    ``invalidate_caches`` is restored after the test."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda c: object()))
    _pyworker.install()
    wrapped = cls.invalidate_caches
    assert wrapped.skips_unchanged
    _pyworker.install()  # idempotent: the second call wraps nothing
    assert cls.invalidate_caches is wrapped


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


@needs_311
def test_unchanged_zip_is_not_reread(tmp_path, worker_install, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pyw_a"])
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    before = reads.count(archive)
    for imp in importers:
        imp.invalidate_caches()  # the first call per importer reads
    assert reads.count(archive) == before + 3
    for _ in range(5):
        for imp in importers:
            imp.invalidate_caches()
    assert reads.count(archive) == before + 3


@needs_311
def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path, monkeypatch, worker_install, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pyw_b"])
    monkeypatch.syspath_prepend(archive)
    for name in ("pyw_b", "pyw_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("pyw_b").NAME == "pyw_b"
        importlib.invalidate_caches()
        n = reads.count(archive)
        importlib.invalidate_caches()
        assert reads.count(archive) == n

        _write_zip(archive, ["pyw_b", "pyw_c"])  # one more module: a new size
        importlib.invalidate_caches()
        assert reads.count(archive) == n + 1
        assert importlib.import_module("pyw_c").NAME == "pyw_c"

        # a missing archive is dropped exactly as before
        imp = sys.path_importer_cache[archive]
        (tmp_path / "mods.zip").unlink()
        imp.invalidate_caches()
        assert imp._files == {} and archive not in zipimport._zip_directory_cache
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_driver_install_leaves_zipimport_untouched():
    assert TaskContext.get() is None
    before = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert not hasattr(before, "skips_unchanged")


def test_install_is_a_noop_on_312(monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    monkeypatch.setattr(TaskContext, "get", classmethod(lambda c: object()))
    before = zipimport.zipimporter.invalidate_caches
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is before


@needs_311
def test_wrapper_is_active_in_every_worker_task(spark):
    def report(batches):
        import os
        import zipimport

        import pandas as pd

        import postfix_log_parser_spark  # noqa: F401  (installs on first import)

        for _ in batches:
            pass
        active = getattr(zipimport.zipimporter.invalidate_caches, "skips_unchanged", False)
        yield pd.DataFrame({"pid": [os.getpid()], "active": [active]})

    rows = spark.range(0, 64, numPartitions=8).mapInPandas(report, "pid long, active boolean").collect()
    assert len(rows) == 8
    assert all(r.active for r in rows)
