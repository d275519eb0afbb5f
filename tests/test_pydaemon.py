"""The engine's Python worker daemon (lakerunner_spark/pydaemon.py).

Without Spark: a zipimporter skips the re-read on invalidate_caches()
while its archive is unchanged, and re-reads once the archive's
(mtime, size) stamp moves or it cannot be stat-ed. With Spark: the
engine session's workers run under the daemon, and a pyFile added after
the first Python task still imports.
"""

from __future__ import annotations

import importlib.util
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from lakerunner_spark import pydaemon


@pytest.fixture
def installed(monkeypatch):
    # monkeypatch restores the stock functions after the test
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    for name in ("__init__", "invalidate_caches"):
        monkeypatch.setattr(
            zipimport.zipimporter, name, getattr(zipimport.zipimporter, name)
        )
    pydaemon.install()


def _write_zip(path, source: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", source)


def _load(importer: zipimport.zipimporter):
    spec = importer.find_spec("zmod")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_unchanged_archive_is_not_reread(installed, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "VALUE = 1\n")
    importer = zipimport.zipimporter(path)
    assert _load(importer).VALUE == 1
    cache = zipimport._zip_directory_cache[path]

    importer.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is cache
    assert _load(importer).VALUE == 1


def test_changed_archive_is_reread(installed, tmp_path):
    path = str(tmp_path / "a.zip")
    _write_zip(path, "VALUE = 1\n")
    importer = zipimport.zipimporter(path)
    assert _load(importer).VALUE == 1
    importer.invalidate_caches()
    cache = zipimport._zip_directory_cache[path]

    # different content and size, so the stamp moves even when the
    # rewrite lands inside the file system's mtime granularity
    _write_zip(path, "VALUE = 'a longer value than before'\n")
    # built after the rewrite from the cached (stale) directory
    late = zipimport.zipimporter(path)
    importer.invalidate_caches()
    assert zipimport._zip_directory_cache[path] is not cache
    assert _load(importer).VALUE == "a longer value than before"
    late.invalidate_caches()
    assert _load(late).VALUE == "a longer value than before"


def test_unstatable_archive_runs_the_stock_invalidation(installed, tmp_path):
    path = tmp_path / "a.zip"
    _write_zip(path, "VALUE = 1\n")
    importer = zipimport.zipimporter(str(path))
    _load(importer)
    path.unlink()
    importer.invalidate_caches()
    assert str(path) not in zipimport._zip_directory_cache
    assert importer.find_spec("zmod") is None


def test_engine_workers_run_under_the_daemon(spark):
    def invalidate_module(_):
        import zipimport  # noqa: PLC0415

        return zipimport.zipimporter.invalidate_caches.__module__

    where = F.udf(invalidate_module, "string")
    got = spark.range(1, numPartitions=1).select(where("id")).first()[0]
    assert got == "lakerunner_spark.pydaemon"


def test_pyfile_added_after_first_task_imports(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([1], 1).map(lambda x: x + 1).collect() == [2]

    path = tmp_path / "lr_pyfile_probe.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("lr_pyfile_probe.py", "VALUE = 'from a late pyFile'\n")
    sc.addPyFile(str(path))

    def probe(_):
        import lr_pyfile_probe  # noqa: PLC0415

        return lr_pyfile_probe.VALUE

    assert sc.parallelize([0], 1).map(probe).collect() == ["from a late pyFile"]
