"""The engine's Python-worker daemon (``duckdb_mongo_spark._pydaemon``).

Before CPython 3.13, ``importlib.invalidate_caches()`` (run at the start
of every Python task) makes each zipimporter re-read its archive's
central directory. The daemon installs an importer that re-reads only
when the archive changed. These tests pin that a changed archive is
still re-read, that an unchanged one is not, and that a ``get_spark()``
session's workers run the stamped importer and still surface kernel
errors.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.errors import PythonException

from duckdb_mongo_spark import _pydaemon, session

ENGINE_DAEMON = "duckdb_mongo_spark._pydaemon"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture()
def hooked(monkeypatch):
    """Install the daemon's path hook on private copies of the import
    state, so the test process's own importers are untouched."""
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(_pydaemon, "_stamps", {})
    _pydaemon.install()
    added = []
    yield added
    for name in added:
        sys.modules.pop(name, None)


class TestStampedZipImporter:
    def test_changed_archive_is_reread(self, hooked, tmp_path):
        assert zipimport.zipimporter not in sys.path_hooks
        archive = str(tmp_path / "mods.zip")
        _write_zip(archive, {"pydaemon_zmod_a": "X = 1\n"})
        sys.path.insert(0, archive)
        hooked += ["pydaemon_zmod_a", "pydaemon_zmod_b"]
        assert importlib.import_module("pydaemon_zmod_a").X == 1
        assert isinstance(sys.path_importer_cache[archive], _pydaemon.StampedZipImporter)
        _write_zip(archive, {"pydaemon_zmod_a": "X = 1\n", "pydaemon_zmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("pydaemon_zmod_b").Y == 2

    def test_every_importer_of_a_changed_archive_sees_it(self, hooked, tmp_path):
        # importing a package's submodule adds a second importer on the
        # same archive (prefix ``pydaemon_zpkg/``); the first importer to
        # be invalidated re-reads, and the second must not keep the old
        # directory
        archive = str(tmp_path / "pkg.zip")
        pkg = {"pydaemon_zpkg/__init__": "", "pydaemon_zpkg/m1": "A = 1\n"}
        _write_zip(archive, pkg)
        sys.path.insert(0, archive)
        hooked += ["pydaemon_zpkg", "pydaemon_zpkg.m1", "pydaemon_zpkg.m2"]
        importlib.import_module("pydaemon_zpkg.m1")
        prefixed = os.path.join(archive, "pydaemon_zpkg")
        assert isinstance(sys.path_importer_cache[prefixed], _pydaemon.StampedZipImporter)
        _write_zip(archive, {**pkg, "pydaemon_zpkg/m2": "B = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("pydaemon_zpkg.m2").B == 2

    def test_unchanged_archive_is_not_reread(self, hooked, tmp_path, monkeypatch):
        archive = str(tmp_path / "mods.zip")
        _write_zip(archive, {"pydaemon_zmod_c": "Z = 3\n"})
        sys.path.insert(0, archive)
        hooked.append("pydaemon_zmod_c")
        importlib.import_module("pydaemon_zmod_c")
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
        # a rewrite of the same archive is read again, once per importer
        _write_zip(archive, {"pydaemon_zmod_c": "Z = 3\n", "pydaemon_zmod_d": "W = 4\n"})
        importlib.invalidate_caches()
        assert reads == [archive]


class TestDaemonModuleChoice:
    def test_engine_daemon_when_workers_can_import_the_package(self, monkeypatch):
        monkeypatch.chdir(ROOT)
        assert session._python_daemon_module() == ENGINE_DAEMON

    def test_stock_daemon_when_only_sys_path_finds_the_package(self, monkeypatch, tmp_path):
        monkeypatch.chdir(tmp_path)
        monkeypatch.delenv("PYTHONPATH", raising=False)
        assert session._python_daemon_module() == "pyspark.daemon"
        monkeypatch.setenv("PYTHONPATH", ROOT)
        assert session._python_daemon_module() == ENGINE_DAEMON


class TestWorkers:
    def test_session_workers_use_the_stamped_importer(self, spark):
        if spark.sparkContext.getConf().get("spark.python.daemon.module") != ENGINE_DAEMON:
            pytest.skip("session started where workers cannot import the package")
        if sys.version_info >= (3, 13):
            pytest.skip("the hook is installed only before CPython 3.13")

        def probe(_):
            import sys
            import zipimport

            yield sorted({
                f"{type(f).__module__}.{type(f).__qualname__}"
                for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)
            })

        kinds = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
        assert kinds == [[f"{ENGINE_DAEMON}.StampedZipImporter"]]

    def test_kernel_error_surfaces_as_python_exception(self, spark):
        def kernel(batches):
            for pdf in batches:
                raise ValueError("pydaemon kernel failure 7f3a")
                yield pdf

        with pytest.raises(PythonException, match="pydaemon kernel failure 7f3a"):
            spark.range(4).mapInPandas(kernel, "id long").collect()
