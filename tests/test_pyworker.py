"""The engine's Python worker daemon (mapreducego_spark.pyworker):
workers fork from it, their zip importers skip the per-task archive
re-read, and files shipped after the workers are warm still import."""

from __future__ import annotations

import uuid
import zipfile

from mapreducego_spark.pyworker import StaticZipImporter


def _write_zip(path, name, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", body)


def test_static_importer_keeps_its_listing(tmp_path):
    """A plain zipimporter re-reads its archive on invalidate_caches;
    the static one keeps the listing it read at construction. Each
    gets its own archive: CPython 3.13 shares listings per path."""
    import zipimport

    importers = {}
    for cls in (zipimport.zipimporter, StaticZipImporter):
        archive = str(tmp_path / f"{cls.__name__}.zip")
        _write_zip(archive, "first", "X = 1\n")
        importers[cls] = cls(archive)
        with zipfile.ZipFile(archive, "a") as zf:
            zf.writestr("second.py", "X = 2\n")
        importers[cls].invalidate_caches()
    assert importers[zipimport.zipimporter].find_spec("second") is not None
    assert importers[StaticZipImporter].find_spec("second") is None
    assert importers[StaticZipImporter].find_spec("first") is not None


def _worker_state():
    """A mapPartitions body reporting (pid, __main__ module, zip
    importers cached, how many of them are the daemon's static class).
    Built in a function so cloudpickle ships it by value: this test
    module is not importable in the workers."""

    def state(_):
        import os
        import sys
        import zipimport

        import pyspark.sql.types  # noqa: F401  (a pyspark.zip subpackage)

        main = sys.modules["__main__"]
        static = getattr(main, "StaticZipImporter", None)
        zips = [
            imp
            for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
        ]
        yield (
            os.getpid(),
            getattr(main.__spec__, "name", None),
            len(zips),
            sum(type(imp) is static for imp in zips),
        )

    return state


def test_worker_forks_from_engine_daemon(spark):
    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_worker_state())
    for _pid, main_module, _n, _static in rows.collect():
        assert main_module == "mapreducego_spark.pyworker"


def test_every_worker_zip_importer_is_static(spark):
    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_worker_state())
    for _pid, _main, n_zips, n_static in rows.collect():
        assert n_zips > 0
        assert n_static == n_zips


def test_pyfile_added_to_warm_workers_imports(spark, tmp_path):
    """invalidate_caches exists so a file shipped mid-session is seen;
    a zip shipped with addPyFile gets a fresh importer on its own path."""
    sc = spark.sparkContext
    warm = sc.parallelize(range(4), 4).mapPartitions(_worker_state()).collect()
    name = f"graft_late_{uuid.uuid4().hex}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, name, "VALUE = 42\n")
    sc.addPyFile(str(archive))

    def probe(_):
        import importlib
        import os

        yield os.getpid(), importlib.import_module(name).VALUE

    got = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert [v for _pid, v in got] == [42] * 4
    # Reused workers ran the import, not only freshly forked ones.
    assert {pid for pid, *_ in warm} & {pid for pid, _v in got}
